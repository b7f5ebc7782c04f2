"""Deterministic synthetic inputs (FIXTURES.md). No wall-clock, no external
data, no RNG state shared across rows — every value is a pure function of a
row key, so results are identical at any parallelism / partitioning.

Two families:

1. ``points_from_orders`` — geo points derived from the driver's ``orders``
   parquet via PURE INTEGER arithmetic. The same derivation is emitted as SQL
   text (``sql_points_cte``) so the DuckDB oracle sees bit-identical inputs.
   Distribution: 80% spread over lat∈[-60,60], lon∈[-179,179]; 20% packed
   into 3 tiny "urban" hot boxes (NYC/London/Tokyo-ish) to exercise the skew
   split (SURVEY.md §4 item 1).

2. ``synth_images`` — seeded-numpy image+caption rows matching the
   BASELINE.json input_hint schema; pixels are a pure function of the row
   index (Philox keyed by index), captions embed the geo-tag so parsing them
   back reproduces lat7/lon7 exactly.

Plus the osmio-model fixture tables with the reference's golden literals
(opl/test.rs:22-38, test.rs:9, xml/mod.rs:594).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.functions.timestamps import ntz_from_epoch
from osmgraft.io import read_fixture

from osmgraft.schema import ADMIN_BOUNDARY_SCHEMA, IMAGE_SCHEMA

# --- 1. integer-arithmetic geo points (Spark + SQL twins) -------------------

_A_LON, _B_LON = 2654435761, 3_580_000_000  # lon7 ∈ [-1.79e9, 1.79e9)
_A_LAT, _C_LAT, _B_LAT = 1103515245, 12345, 1_200_000_000  # lat7 ∈ [-6e8, 6e8)
_HOT_SPOTS = [  # (lat7, lon7) centers: NYC, London, Tokyo
    (407_000_000, -740_000_000),
    (515_000_000, -1_000_000),
    (356_000_000, 1_397_000_000),
]
_JIT = 400_000  # ±0.02° jitter inside a hot box


def points_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_id:long, lat7:int, lon7:int) — deterministic from o_orderkey."""
    from osmgraft.operators.util import ensure_min_parallelism

    return points_projection(
        ensure_min_parallelism(read_fixture(spark, sf_dir, "orders"))
    )


def latlon_of_key(k) -> tuple:
    """(lat7, lon7) Column pair for an arbitrary key Column — the projection
    as pure expressions, so callers that already HAVE the key in hand (e.g.
    a lead() window neighbor) synthesize coordinates without a self-join."""
    # Overflow-safe to k ≥ 10^12 (the north-rule row scale) via exact
    # modular identities — k·A mod B == ((k mod B)·A') mod B with
    # A' ≡ A (mod B); values are BIT-IDENTICAL to the pre-r5 direct form
    # for every k where that form didn't overflow (k·2654435761 blew past
    # int64 at k ≈ 3.47e9 — caught by the r5 4B-row scale run). The lon
    # side uses the negative residue A−B so the product stays ≤ 3.3e18;
    # the lat side fits after mod-first alone. sql_latlon_of_key mirrors
    # the same text; tests/test_synth_scale.py pins both properties.
    k_lon = k % F.lit(_B_LON)
    base_lon = (
        (k_lon * F.lit(_A_LON - _B_LON)) % F.lit(_B_LON) + F.lit(_B_LON)
    ) % F.lit(_B_LON) - F.lit(_B_LON // 2)
    base_lat = ((k % F.lit(_B_LAT)) * F.lit(_A_LAT) + F.lit(_C_LAT)) % F.lit(
        _B_LAT
    ) - F.lit(_B_LAT // 2)
    d1 = ((k % F.lit(_JIT)) * F.lit(48271)) % F.lit(_JIT) - F.lit(_JIT // 2)
    d2 = ((k % F.lit(_JIT)) * F.lit(69621)) % F.lit(_JIT) - F.lit(_JIT // 2)
    spot = k % F.lit(3)
    hot_lat = (
        F.when(spot == 0, F.lit(_HOT_SPOTS[0][0]))
        .when(spot == 1, F.lit(_HOT_SPOTS[1][0]))
        .otherwise(F.lit(_HOT_SPOTS[2][0]))
        + d1
    )
    hot_lon = (
        F.when(spot == 0, F.lit(_HOT_SPOTS[0][1]))
        .when(spot == 1, F.lit(_HOT_SPOTS[1][1]))
        .otherwise(F.lit(_HOT_SPOTS[2][1]))
        + d2
    )
    is_hot = (k % F.lit(5)) == 0
    return (
        F.when(is_hot, hot_lat).otherwise(base_lat).cast("int"),
        F.when(is_hot, hot_lon).otherwise(base_lon).cast("int"),
    )


def points_projection(orders: DataFrame) -> DataFrame:
    """The same deterministic (point_id, lat7, lon7) projection over an
    already-loaded orders DataFrame (checkpoint/batch path)."""
    lat, lon = latlon_of_key(F.col("o_orderkey"))
    return orders.select(
        F.col("o_orderkey").alias("point_id"),
        lat.alias("lat7"),
        lon.alias("lon7"),
    )


def sql_latlon_of_key(key: str) -> tuple[str, str]:
    """DuckDB twin of :func:`latlon_of_key` for an arbitrary key expression —
    (lat7_sql, lon7_sql) producing bit-identical integers."""
    spots = _HOT_SPOTS
    k = f"({key})"
    # overflow-safe modular forms, textually mirroring latlon_of_key
    lat = (
        f"CAST(CASE WHEN {k} % 5 = 0 THEN "
        f"(CASE {k} % 3 WHEN 0 THEN {spots[0][0]} WHEN 1 THEN {spots[1][0]} "
        f"ELSE {spots[2][0]} END) + ((({k} % {_JIT}) * 48271) % {_JIT} - {_JIT // 2}) "
        f"ELSE (({k} % {_B_LAT}) * {_A_LAT} + {_C_LAT}) % {_B_LAT} - {_B_LAT // 2} "
        f"END AS INTEGER)"
    )
    lon = (
        f"CAST(CASE WHEN {k} % 5 = 0 THEN "
        f"(CASE {k} % 3 WHEN 0 THEN {spots[0][1]} WHEN 1 THEN {spots[1][1]} "
        f"ELSE {spots[2][1]} END) + ((({k} % {_JIT}) * 69621) % {_JIT} - {_JIT // 2}) "
        f"ELSE ((({k} % {_B_LON}) * {_A_LON - _B_LON}) % {_B_LON} + {_B_LON})"
        f" % {_B_LON} - {_B_LON // 2} END AS INTEGER)"
    )
    return lat, lon


def sql_points_cte() -> str:
    """DuckDB CTE body producing bit-identical rows to points_from_orders."""
    lat, lon = sql_latlon_of_key("o_orderkey")
    return f"""
SELECT
  o_orderkey AS point_id,
  {lat} AS lat7,
  {lon} AS lon7
FROM orders
""".strip()


# --- 2. admin boundary polygons (constants; FIXTURES.md §2) -----------------
# rings are CLOSED (first == last vertex — osmio is_closed, lib.rs:456-461).
def _box(lat0, lon0, lat1, lon1):
    return [(lat0, lon0), (lat0, lon1), (lat1, lon1), (lat1, lon0), (lat0, lon0)]


ADMIN_BOUNDARIES: list[dict] = [
    # 3 boxes over the hot spots (dense-join / skew case)
    {"boundary_id": 1, "name": "hot-nyc",
     "ring": _box(405_000_000, -742_000_000, 409_000_000, -738_000_000), "holes": [],
     "tags": {"boundary": "administrative"}},
    {"boundary_id": 2, "name": "hot-london",
     "ring": _box(513_000_000, -3_000_000, 517_000_000, 1_000_000), "holes": [],
     "tags": {"boundary": "administrative"}},
    {"boundary_id": 3, "name": "hot-tokyo",
     "ring": _box(354_000_000, 1_395_000_000, 358_000_000, 1_399_000_000), "holes": [],
     "tags": {"boundary": "administrative"}},
    # large boxes elsewhere
    {"boundary_id": 4, "name": "big-atlantic",
     "ring": _box(-300_000_000, -600_000_000, 100_000_000, -200_000_000), "holes": [],
     "tags": {}},
    {"boundary_id": 5, "name": "big-asia",
     "ring": _box(100_000_000, 600_000_000, 550_000_000, 1_200_000_000), "holes": [],
     "tags": {}},
    # non-convex L-shape
    {"boundary_id": 6, "name": "l-shape",
     "ring": [(-500_000_000, 200_000_000), (-500_000_000, 500_000_000),
              (-400_000_000, 500_000_000), (-400_000_000, 350_000_000),
              (-200_000_000, 350_000_000), (-200_000_000, 200_000_000),
              (-500_000_000, 200_000_000)], "holes": [],
     "tags": {"shape": "L"}},
    # ring with a hole
    {"boundary_id": 7, "name": "donut",
     "ring": _box(200_000_000, 200_000_000, 500_000_000, 500_000_000),
     "holes": [_box(300_000_000, 300_000_000, 400_000_000, 400_000_000)],
     "tags": {"shape": "donut"}},
    # crosses lon=0
    {"boundary_id": 8, "name": "meridian",
     "ring": _box(-100_000_000, -150_000_000, 50_000_000, 150_000_000), "holes": [],
     "tags": {}},
    # triangle (non-axis-aligned edges)
    {"boundary_id": 9, "name": "triangle",
     "ring": [(-550_000_000, -1_500_000_000), (-350_000_000, -1_200_000_000),
              (-550_000_000, -900_000_000), (-550_000_000, -1_500_000_000)], "holes": [],
     "tags": {}},
    # area-semantics fixtures (osmio is_area, lib.rs:465-472)
    {"boundary_id": 10, "name": "area-no",
     "ring": _box(560_000_000, 300_000_000, 580_000_000, 330_000_000), "holes": [],
     "tags": {"area": "no"}},
    {"boundary_id": 11, "name": "area-yes",
     "ring": _box(560_000_000, 340_000_000, 580_000_000, 370_000_000), "holes": [],
     "tags": {"area": "yes"}},
    # second non-convex: arrow/chevron
    {"boundary_id": 12, "name": "chevron",
     "ring": [(0, 1_600_000_000), (100_000_000, 1_700_000_000), (0, 1_680_000_000),
              (-100_000_000, 1_700_000_000), (0, 1_600_000_000)], "holes": [],
     "tags": {}},
]


# Antimeridian-crossing boundary (Fiji-like) — exercised by the raster tile
# cover ONLY. Kept out of ADMIN_BOUNDARIES: the ray-casting PIP operators and
# their oracles treat rings in raw lon space (wrap-free by fixture contract).
COVER_BOUNDARIES: list[dict] = ADMIN_BOUNDARIES + [
    {"boundary_id": 13, "name": "fiji-wrap",
     "ring": _box(-210_000_000, 1_770_000_000, -150_000_000, -1_780_000_000),
     "holes": [], "tags": {"wrap": "antimeridian"}},
]


def admin_boundaries_df(spark: SparkSession) -> DataFrame:
    rows = [
        (
            b["boundary_id"],
            b["name"],
            [{"lat7": p[0], "lon7": p[1]} for p in b["ring"]],
            [[{"lat7": p[0], "lon7": p[1]} for p in h] for h in b["holes"]],
            b["tags"],
        )
        for b in ADMIN_BOUNDARIES
    ]
    return spark.createDataFrame(rows, ADMIN_BOUNDARY_SCHEMA)


# --- 2b. audio fixture: PCM16 WAV clips with SQL-derivable samples -----------
def synth_audio(spark: SparkSession, n: int, n_samples: int = 1024,
                rate: int = 16_000) -> DataFrame:
    """Deterministic audio table: sample(i, t) = ((i*1103515245 + t*12345
    + 42) % 65536) - 32768 — pure integer arithmetic, so the DuckDB oracle
    regenerates the PCM exactly and any WAV-decode bug breaks the energy
    hash. Payloads are REAL RIFF/PCM16 containers (encode_wav_pcm16)."""
    from osmgraft.operators.multimodal import encode_wav_pcm16

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for i in pdf["idx"].tolist():
                t = np.arange(n_samples, dtype=np.int64)
                pcm = ((i * 1103515245 + t * 12345 + 42) % 65536 - 32768).astype(
                    np.int16
                )
                out.append((f"aud{i:09d}", bytearray(encode_wav_pcm16(pcm, rate))))
            yield pd.DataFrame(out, columns=["media_id", "bytes"])

    return spark.range(n).select(F.col("id").alias("idx")).mapInPandas(
        gen, schema="media_id string, bytes binary"
    )


def synth_audio_shifted(spark: SparkSession, n: int, window: int = 256,
                        n_windows: int = 6, rate: int = 16_000) -> DataFrame:
    """Audio near-dup fixture: clip i is a WINDOW-ALIGNED time shift of its
    group's base stream — pcm(i, t) = base(i//3, (i%3)*window + t) with
    base(g, u) = ((x² + x) // 256) % 65536 − 32768, x = (g·1103515245 +
    u·12345 + 42) % 65536 — the quadratic mix matters: a plain LCG sample
    (synth_audio's formula) is a mod-65536 sawtooth with the SAME slope for
    every clip, so all spectra collide and landmark keys stop
    discriminating (measured 82% of random pairs sharing a key; the mix
    drops that to 0.19% while every planted pair still matches).  Clips of
    one group share most analysis windows; the arithmetic stays pure
    integer (x² ≤ 2^32: no overflow) so the DuckDB oracle regenerates
    every sample. Payloads are REAL RIFF/PCM16 WAVs."""
    from osmgraft.operators.multimodal import encode_wav_pcm16

    n_samples = n_windows * window

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for i in pdf["idx"].tolist():
                g, sh = i // 3, (i % 3) * window
                u = sh + np.arange(n_samples, dtype=np.int64)
                x = (g * 1103515245 + u * 12345 + 42) % 65536
                pcm = (((x * x + x) // 256) % 65536 - 32768).astype(np.int16)
                out.append((f"aud{i:09d}", bytearray(encode_wav_pcm16(pcm, rate))))
            yield pd.DataFrame(out, columns=["media_id", "bytes"])

    return spark.range(n).select(F.col("id").alias("idx")).mapInPandas(
        gen, schema="media_id string, bytes binary"
    )


def synth_videos(spark: SparkSession, n: int, w: int = 16, h: int = 16,
                 uniform: bool = False) -> DataFrame:
    """Deterministic video table: REAL YUV4MPEG2 (Cmono) payloads whose luma
    is pure integer arithmetic — luma(idx, f, y, x) = (idx*31 + f*17 + y*5
    + x*3) % 256 — so the DuckDB oracle regenerates per-frame luma sums
    exactly and any Y4M-decode bug breaks the hash. Clip length varies
    (n_frames = 4 + idx % 3) to exercise the non-uniform decode path;
    ``uniform=True`` pins 6 frames for the one-reshape fast path."""
    from osmgraft.operators.multimodal import encode_y4m

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for i in pdf["idx"].tolist():
                nf = 6 if uniform else 4 + i % 3
                f = np.arange(nf, dtype=np.int64)[:, None, None]
                y = np.arange(h, dtype=np.int64)[None, :, None]
                x = np.arange(w, dtype=np.int64)[None, None, :]
                luma = ((i * 31 + f * 17 + y * 5 + x * 3) % 256).astype(np.uint8)
                out.append((f"vid{i:012d}", bytearray(encode_y4m(luma, "mono"))))
            yield pd.DataFrame(out, columns=["media_id", "bytes"])

    return spark.range(n).select(F.col("id").alias("idx")).mapInPandas(
        gen, schema="media_id string, bytes binary"
    )


# --- 3. image table (input_hint schema) --------------------------------------
def _pixels_for(idx: int, w: int, h: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=idx))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def synth_images(spark: SparkSession, n: int, with_pixels: bool = True) -> DataFrame:
    """Deterministic image table. Geo distribution mirrors points_from_orders
    (hot cells at idx%5==0). Pixels per-row Philox(key=idx) — partitioning
    independent."""
    from osmgraft.functions.codec import decode_image, encode_image, phash64

    sizes = [16, 32, 64]

    def gen(pdf_iter):
        for pdf in pdf_iter:
            if not with_pixels:
                # metadata-only path, fully vectorized (row-identical to the
                # loop below; the pinned caption-parse oracle guards it) —
                # this is the hot branch for image_geo_tiles at bench SF
                idxs = pdf["idx"].to_numpy().astype(np.int64)
                src = np.where((idxs % 50 == 49) & (idxs > 0), idxs - 1, idxs)
                wv = np.array(sizes, dtype=np.int64)[src % 3]
                hv = np.array(sizes, dtype=np.int64)[(src // 3) % 3]
                # fmt rotation phase-shifted every 25 rows: a plain idxs % 5 is
                # SYNCHRONIZED with the hot-spot cycle (idx % 5 == 0 would
                # always be raw) and the near-dup cycle (idx % 50 == 49 would
                # always be jpeg with a png source), silently narrowing what
                # the pinned gates exercise
                fmts = np.array(["raw", "ppm", "qdct", "png", "jpeg"])[
                    (idxs + idxs // 25) % 5
                ]
                hot = idxs % 5 == 0
                hs = np.array(_HOT_SPOTS, dtype=np.int64)[idxs % 3]
                lat7 = np.where(
                    hot,
                    hs[:, 0] + (idxs * 48271) % _JIT - _JIT // 2,
                    (idxs * _A_LAT + _C_LAT) % _B_LAT - _B_LAT // 2,
                )
                lon7 = np.where(
                    hot,
                    hs[:, 1] + (idxs * 69621) % _JIT - _JIT // 2,
                    (idxs * _A_LON) % _B_LON - _B_LON // 2,
                )
                caps = [
                    f"photo at {la / 1e7:.7f},{lo / 1e7:.7f} of object {i % 97}"
                    for la, lo, i in zip(lat7.tolist(), lon7.tolist(), idxs.tolist())
                ]
                yield pd.DataFrame(
                    {
                        "image_id": [f"img{i:012d}" for i in idxs.tolist()],
                        "bytes": pd.Series([None] * len(idxs), dtype=object),
                        "w": wv,
                        "h": hv,
                        "fmt": fmts,
                        "caption": caps,
                        "phash": np.zeros(len(idxs), dtype=np.int64),
                        "lat7": lat7,
                        "lon7": lon7,
                    }
                )
                continue
            out = []
            for idx in pdf["idx"].to_numpy():
                idx = int(idx)
                # every 50th image is a near-duplicate of its predecessor
                # (one pixel perturbed) — exercises pHash near-dup detection
                src = idx - 1 if (idx % 50 == 49 and idx > 0) else idx
                w = sizes[src % 3]
                h = sizes[(src // 3) % 3]
                fmt = ("raw", "ppm", "qdct", "png", "jpeg")[
                    (idx + idx // 25) % 5  # phase-shifted: see the note above
                ]
                if idx % 5 == 0:
                    clat, clon = _HOT_SPOTS[idx % 3]
                    lat7 = clat + (idx * 48271) % _JIT - _JIT // 2
                    lon7 = clon + (idx * 69621) % _JIT - _JIT // 2
                else:
                    lat7 = (idx * _A_LAT + _C_LAT) % _B_LAT - _B_LAT // 2
                    lon7 = (idx * _A_LON) % _B_LON - _B_LON // 2
                if with_pixels:
                    px = _pixels_for(src, w, h)
                    if src != idx:
                        px = px.copy()
                        px[0, 0, 0] ^= 1
                    data = encode_image(px, fmt)
                    # store the hash of what a consumer DECODES: exact pixels
                    # for lossless fmts, the deterministic lossy reconstruction
                    # for qdct/jpeg (input_hint: PSNR>=40 decoded-pixel invariant)
                    ph_px = decode_image(data, w, h, fmt) if fmt in ("qdct", "jpeg") else px
                    ph = int(phash64(ph_px))
                else:
                    data, ph = None, 0
                cap = f"photo at {lat7 / 1e7:.7f},{lon7 / 1e7:.7f} of object {idx % 97}"
                out.append((f"img{idx:012d}", data, w, h, fmt, cap, ph, lat7, lon7))
            yield pd.DataFrame(
                out, columns=[f.name for f in IMAGE_SCHEMA.fields]
            )

    idx_df = spark.range(n).select(F.col("id").alias("idx"))
    return idx_df.mapInPandas(gen, schema=IMAGE_SCHEMA)


def synth_exif_images(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic JPEG-container rows whose GPS position lives ONLY in a
    real Exif APP1 segment (functions/exif.py) — the metadata leg of the
    north star's "lon/lat from image metadata/captions".

    Coordinates are the shared closed-form projection (latlon_of_key over
    idx — computed as Spark COLUMNS, so the Python stage only serializes
    already-exact ints into TIFF rationals; sql_latlon_of_key is the oracle
    twin). Adversarial rotation: byte order alternates MM/II per row; a
    decoy segment (none / COM / non-Exif APP1) precedes the Exif APP1 on a
    3-cycle, so a parser that grabs "the first APP1" or assumes one endian
    fails the gate; every 97th row is truncated mid-marker (corrupt upload
    → parser must yield NULL, not raise)."""
    from osmgraft.functions.exif import com_segment, jpeg_with_gps, xmp_app1

    idx_df = spark.range(n).select(F.col("id").alias("idx"))
    lat, lon = latlon_of_key(F.col("idx"))
    base = idx_df.select("idx", lat.alias("lat7"), lon.alias("lon7"))

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for idx, la, lo in zip(
                pdf["idx"].to_numpy().tolist(),
                pdf["lat7"].to_numpy().tolist(),
                pdf["lon7"].to_numpy().tolist(),
            ):
                pre = (b"", com_segment(b"decoy comment"), xmp_app1())[idx % 3]
                data = jpeg_with_gps(la, lo, "MM" if idx % 2 == 0 else "II", pre)
                if idx % 97 == 0:
                    data = data[:7]
                out.append((f"img{idx:012d}", data, la, lo))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "lat7", "lon7"])

    return base.mapInPandas(gen, "image_id string, bytes binary, lat7 int, lon7 int")


# --- 4. osmio-model fixtures (golden literals) --------------------------------
def osm_nodes_df(spark: SparkSession) -> DataFrame:
    """Includes the reference's golden node 197801 (opl/test.rs:22-38, test.rs:9)."""
    import datetime as dt

    from osmgraft.schema import OSM_NODE_SCHEMA

    rows = [
        (197801, 6, False, 10009832, dt.datetime(2011, 12, 1, 17, 3, 42), 20673,
         "mikefalzon", {"created_by": "JOSM"}, 360_292_900, 142_741_628),
        (1, 1, False, 1, dt.datetime(1970, 1, 1, 0, 11, 40), 1, "&foo",
         {}, 12_300_000, -45_600_000),
        (2, None, True, None, None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, OSM_NODE_SCHEMA)


def osm_ways_df(spark: SparkSession) -> DataFrame:
    """The 4 golden area-semantics ways (tests.rs:90-165)."""
    import datetime as dt

    from osmgraft.schema import OSM_WAY_SCHEMA

    ts = dt.datetime(2011, 12, 1, 17, 3, 42)
    rows = [
        (100, 1, False, 1, ts, 1, "u", {}, [1, 2, 3]),                     # open
        (101, 1, False, 1, ts, 1, "u", {}, [1, 2, 3, 1]),                  # ring
        (102, 1, False, 1, ts, 1, "u", {"area": "no"}, [1, 2, 3, 1]),      # ring, area=no
        (103, 1, False, 1, ts, 1, "u", {"area": "yes"}, [1, 2, 3, 1]),     # ring, area=yes
    ]
    return spark.createDataFrame(rows, OSM_WAY_SCHEMA)


# --- 3. OSM object stream derived from the TPC-H tables ----------------------
# Deterministic nodes/ways/relations used to generate REAL format fixtures
# (.osm.pbf / .osm / .opl / changeset XML) whose content the DuckDB oracle can
# recompute from the parquet tables directly. Every field is a pure function
# of o_orderkey / o_custkey; the SQL twins live in the registered queries.
WAY_ID_BASE = 1_000_000_000
REL_ID_BASE = 2_000_000_000
REL_BUCKETS = 97
NODE_TS_BASE = 1_500_000_000  # 2017-07-14T02:40:00Z
WAY_TS_BASE = 1_600_000_000
REL_TS_BASE = 1_700_000_000


def point_for_key(k: int) -> tuple[int, int]:
    """Python twin of points_projection for one o_orderkey (used only by the
    driver-side fixture writer; all query paths stay DataFrame/SQL)."""
    if k % 5 == 0:
        s = _HOT_SPOTS[k % 3]
        lat = s[0] + (k * 48271) % _JIT - _JIT // 2
        lon = s[1] + (k * 69621) % _JIT - _JIT // 2
    else:
        lat = (k * _A_LAT + _C_LAT) % _B_LAT - _B_LAT // 2
        lon = (k * _A_LON) % _B_LON - _B_LON // 2
    return int(lat), int(lon)


def node_obj(k: int) -> dict:
    lat7, lon7 = point_for_key(k)
    tags = {"ref": str(k)}
    if k % 2 == 0:
        tags["name"] = f"n&<{k % 50}>"  # exercises XML/OPL escaping too
    return {
        "obj_type": "n",
        "id": k,
        "version": k % 9 + 1,
        "deleted": k % 41 == 0,
        "changeset_id": k % 10000 + 1,
        "ts": NODE_TS_BASE + (k * 37) % 100_000_000,
        "uid": k % 1000,
        "user": f"mapper-{k % 97}",
        "tags": tags,
        "lat7": lat7,
        "lon7": lon7,
    }


def way_obj(c: int, node_ids: list[int]) -> dict:
    return {
        "obj_type": "w",
        "id": WAY_ID_BASE + c,
        "version": 1,
        "deleted": False,
        "changeset_id": c % 1000 + 1,
        "ts": WAY_TS_BASE + c,
        "uid": c % 500,
        "user": f"w-{c % 13}",
        "tags": {"highway": "residential"} if c % 2 == 1 else {},
        "nodes": sorted(node_ids),
    }


def rel_obj(b: int, way_custkeys: list[int], min_orderkey: int) -> dict:
    members = [{"type": "n", "ref": int(min_orderkey), "role": "admin_centre"}]
    members += [
        {"type": "w", "ref": WAY_ID_BASE + c, "role": "outer"} for c in sorted(way_custkeys)
    ]
    return {
        "obj_type": "r",
        "id": REL_ID_BASE + b,
        "version": 1,
        "deleted": False,
        "changeset_id": b + 1,
        "ts": REL_TS_BASE + b,
        "uid": 7,
        "user": "rel",
        "tags": {"type": "route"},
        "members": members,
    }


def osm_objs_from_orders(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Driver-side materialization of the derived OSM object stream — the
    FIXTURE WRITER only (bounded by the sandbox SFs; the distributed read
    path is what the queries exercise)."""
    rows = (
        read_fixture(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    nodes = [node_obj(int(r.o_orderkey)) for r in rows]
    by_cust: dict[int, list[int]] = {}
    for r in rows:
        by_cust.setdefault(int(r.o_custkey), []).append(int(r.o_orderkey))
    ways = [way_obj(c, ks) for c, ks in sorted(by_cust.items())]
    by_bucket: dict[int, list[int]] = {}
    for c in by_cust:
        by_bucket.setdefault(c % REL_BUCKETS, []).append(c)
    rels = [
        rel_obj(b, cs, min(min(by_cust[c]) for c in cs))
        for b, cs in sorted(by_bucket.items())
    ]
    nodes.sort(key=lambda o: o["id"])
    return nodes + ways + rels


def pbf_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    """Write-once cached `.osm.pbf` fixture for ``sf_dir`` (atomic replace)."""
    import os

    n = read_fixture(spark, sf_dir, "orders").count()
    d = "/tmp/osmgraft_fixtures"
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"pbf_{os.path.basename(sf_dir.rstrip('/'))}_{n}.osm.pbf")
    if not os.path.exists(path):
        from osmgraft.sources.pbf import write_pbf

        tmp = f"{path}.tmp.{os.getpid()}"
        write_pbf(osm_objs_from_orders(spark, sf_dir), tmp)
        os.replace(tmp, path)
    return path


def osm_objs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED construction of the same derived object stream as
    osm_objs_from_orders — the DataFrame the codec roundtrip queries feed
    through XML/OPL serialization. Shapes must stay in lock-step with
    node_obj/way_obj/rel_obj (the driver-side fixture twins)."""
    orders = read_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    k = F.col("o_orderkey")
    pts = points_projection(orders)
    node_tags = F.map_filter(
        F.map_from_arrays(
            F.array(F.lit("ref"), F.lit("name")),
            F.array(
                k.cast("string"),
                F.when(
                    k % 2 == 0,
                    F.concat(F.lit("n&<"), (k % 50).cast("string"), F.lit(">")),
                ),
            ),
        ),
        lambda _, v: v.isNotNull(),
    )
    nodes = (
        orders.join(pts, orders.o_orderkey == pts.point_id)
        .select(
            F.lit("n").alias("obj_type"),
            k.alias("id"),
            (k % 9 + 1).cast("int").alias("version"),
            (k % 41 == 0).alias("deleted"),
            (k % 10000 + 1).cast("int").alias("changeset_id"),
            ntz_from_epoch(F.lit(NODE_TS_BASE) + (k * 37) % 100_000_000).alias(
                "timestamp"
            ),
            (k % 1000).cast("int").alias("uid"),
            F.concat(F.lit("mapper-"), (k % 97).cast("string")).alias("user"),
            node_tags.alias("tags"),
            F.col("lat7"),
            F.col("lon7"),
            F.lit(None).cast("array<long>").alias("nodes"),
            F.lit(None)
            .cast("array<struct<type:string,ref:long,role:string>>")
            .alias("members"),
        )
    )
    c = F.col("o_custkey")
    ways = orders.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("_nodes")
    ).select(
        F.lit("w").alias("obj_type"),
        (F.lit(WAY_ID_BASE) + c).alias("id"),
        F.lit(1).cast("int").alias("version"),
        F.lit(False).alias("deleted"),
        (c % 1000 + 1).cast("int").alias("changeset_id"),
        ntz_from_epoch(F.lit(WAY_TS_BASE) + c).alias("timestamp"),
        (c % 500).cast("int").alias("uid"),
        F.concat(F.lit("w-"), (c % 13).cast("string")).alias("user"),
        F.when(
            c % 2 == 1, F.create_map(F.lit("highway"), F.lit("residential"))
        ).otherwise(F.map_from_arrays(F.array(), F.array())).alias("tags"),
        F.lit(None).cast("int").alias("lat7"),
        F.lit(None).cast("int").alias("lon7"),
        F.col("_nodes").alias("nodes"),
        F.lit(None)
        .cast("array<struct<type:string,ref:long,role:string>>")
        .alias("members"),
    )
    b = (c % REL_BUCKETS).alias("b")
    wmem = orders.select(b, "o_custkey").distinct().select(
        "b",
        F.struct(
            F.lit("w").alias("type"),
            (F.lit(WAY_ID_BASE) + F.col("o_custkey")).alias("ref"),
            F.lit("outer").alias("role"),
        ).alias("m"),
    )
    nmem = orders.groupBy(b).agg(F.min("o_orderkey").alias("_nref")).select(
        "b",
        F.struct(
            F.lit("n").alias("type"),
            F.col("_nref").alias("ref"),
            F.lit("admin_centre").alias("role"),
        ).alias("m"),
    )
    bb = F.col("b")
    rels = (
        wmem.unionByName(nmem)
        .groupBy("b")
        # node member ('n' < 'w') sorts first, then ways by ref — matches
        # rel_obj's [admin_centre node, ways sorted by custkey]
        .agg(F.sort_array(F.collect_list("m")).alias("_members"))
        .select(
            F.lit("r").alias("obj_type"),
            (F.lit(REL_ID_BASE) + bb).alias("id"),
            F.lit(1).cast("int").alias("version"),
            F.lit(False).alias("deleted"),
            (bb + 1).cast("int").alias("changeset_id"),
            ntz_from_epoch(F.lit(REL_TS_BASE) + bb).alias("timestamp"),
            F.lit(7).cast("int").alias("uid"),
            F.lit("rel").alias("user"),
            F.create_map(F.lit("type"), F.lit("route")).alias("tags"),
            F.lit(None).cast("int").alias("lat7"),
            F.lit(None).cast("int").alias("lon7"),
            F.lit(None).cast("array<long>").alias("nodes"),
            F.col("_members").alias("members"),
        )
    )
    return nodes.unionByName(ways).unionByName(rels)


# --- OSC + changeset-dump fixtures (driver-side writers, cached per sf_dir) --


def _fixture_file(spark: SparkSession, sf_dir: str, kind: str, ext: str, build) -> str:
    import os

    n = read_fixture(spark, sf_dir, "orders").count()
    d = "/tmp/osmgraft_fixtures"
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{kind}_{os.path.basename(sf_dir.rstrip('/'))}_{n}.{ext}"
    )
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        build(tmp)
        os.replace(tmp, path)
    return path


def osc_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    """OSC change document derived from orders: modify every 5th node
    (version+1, lat7+100), delete every 35th, create k+500M for k%11==0."""

    def build(tmp: str) -> None:
        from osmgraft.sources.xml_files import write_osc_file

        keys = [
            int(r.o_orderkey)
            for r in read_fixture(spark, sf_dir, "orders")
            .select("o_orderkey")
            .collect()
        ]
        mods, dels, creates = [], [], []
        for k in sorted(keys):
            if k % 5 == 0:
                o = node_obj(k)
                o["version"] = o["version"] + 1
                o["lat7"] = o["lat7"] + 100
                (dels if k % 7 == 0 else mods).append(o)
            if k % 11 == 0:
                o = node_obj(k)
                o["id"] = k + 500_000_000
                creates.append(o)
        write_osc_file({"create": creates, "modify": mods, "delete": dels}, tmp)

    return _fixture_file(spark, sf_dir, "osc", "osc", build)


def changesets_fixture_path(spark: SparkSession, sf_dir: str) -> str:
    """Changeset-dump XML derived from events: one changeset per event_id,
    tags from event_type, open iff event_id%3==0, num_changes=value%1000."""

    def build(tmp: str) -> None:
        from osmgraft.sources.xml_files import write_changesets_file

        rows = read_fixture(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).collect()
        out = []
        for r in sorted(rows, key=lambda r: int(r.event_id)):
            e = int(r.event_id)
            is_open = e % 3 == 0
            out.append(
                {
                    "id": e,
                    "created": NODE_TS_BASE + e,
                    "closed": None if is_open else NODE_TS_BASE + e + 3600,
                    "open": is_open,
                    "uid": e % 500,
                    "user": f"cs-{e % 31}",
                    "tags": {"comment": f"c{e % 13}", "created_by": str(r.event_type)},
                    # floor-then-floor-mod: one rounding/modulo convention
                    # shared with the DuckDB oracle twin (which wraps its
                    # sign-of-dividend % back to [0,1000)) — int() would
                    # truncate toward zero and flake on negative values.
                    "num_changes": math.floor(r.value) % 1000,
                    "comments_count": e % 7,
                }
            )
        write_changesets_file(out, tmp)

    return _fixture_file(spark, sf_dir, "changesets", "osm", build)


def synth_formula_images(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic image table whose PIXELS are pure integer arithmetic —
    pixel(idx, y, x, c) = (idx*37 + y*11 + x*7 + c*29) % 256 — so the DuckDB
    oracle regenerates every pixel exactly (the synth_videos luma trick, in
    RGB): any decode/SAT/window bug breaks the hash. Payloads are REAL
    containers rotating raw/ppm/png; sizes vary (w = 16+(idx%3)*8,
    h = 12+(idx%2)*6) to exercise per-(fmt,w,h) grouping."""
    from osmgraft.functions.codec import encode_image

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for i in pdf["idx"].tolist():
                w, h = 16 + (i % 3) * 8, 12 + (i % 2) * 6
                y = np.arange(h, dtype=np.int64)[:, None, None]
                x = np.arange(w, dtype=np.int64)[None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                px = ((i * 37 + y * 11 + x * 7 + c * 29) % 256).astype(np.uint8)
                fmt = ("raw", "ppm", "png")[i % 3]
                out.append(
                    (f"fimg{i:09d}", bytearray(encode_image(px, fmt)), w, h, fmt)
                )
            yield pd.DataFrame(
                out, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    return spark.range(n).select(F.col("id").alias("idx")).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


def synth_textured_images(spark: SparkSession, n: int) -> DataFrame:
    """synth_formula_images' TEXTURED sibling: pixel(idx, y, x, c) =
    (idx*37 + y*11 + x*7 + c*29 + 13*y*x) % 256 — the y·x cross term
    breaks the linear pattern's translation regularity, so corner
    detectors fire at position-dependent structure and binary
    descriptors span a real vocabulary (thousands of words instead of
    ten).  Still pure integer arithmetic: the DuckDB oracle regenerates
    every pixel exactly.  Real containers rotating raw/ppm/png; same
    size rotation as the formula fixture."""
    from osmgraft.functions.codec import encode_image

    def gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for i in pdf["idx"].tolist():
                w, h = 16 + (i % 3) * 8, 12 + (i % 2) * 6
                y = np.arange(h, dtype=np.int64)[:, None, None]
                x = np.arange(w, dtype=np.int64)[None, :, None]
                c = np.arange(3, dtype=np.int64)[None, None, :]
                px = ((i * 37 + y * 11 + x * 7 + c * 29 + 13 * y * x) % 256).astype(
                    np.uint8
                )
                fmt = ("raw", "ppm", "png")[i % 3]
                out.append(
                    (f"timg{i:09d}", bytearray(encode_image(px, fmt)), w, h, fmt)
                )
            yield pd.DataFrame(
                out, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    return spark.range(n).select(F.col("id").alias("idx")).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    )
